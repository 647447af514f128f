"""Benchmark of the payer-mrf engine, raw MRF bytes to gold rows.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source on first use (see build.py), runs one workload in one JVM at
local[4], checks every output against the seeded generator's model, and
prints as its last line one JSON object with `correct`, `attempted`,
`failed` and `metrics`. The line before it records the host conditions
of the run. With `--trace 0` the metrics are the end-to-end ones, with
`--trace 1` the per-layer ones of a separate traced run, whose spans are
also written to .bench_build/perfbench/spans-<workload>-<seed>.jsonl.

Workloads:
  mrf_single_large  one 16 MiB single-object MRF (chunkBytes 1 MiB)
                    streamed to bronze, normalized to 8 silver tables,
                    then checked gold (billing_code, TIN) lookups
  mrf_fleet_gz      sixteen 512 KiB .json.gz MRFs from distinct payers,
                    read with perElement=true, same pipeline

`--seconds` buys seconds / 8 timed passes (at least two) after one
warm-up pass; a traced run always makes four. Spark is taken from
$SPARK_HOME (see build.py).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("mrf_single_large", "mrf_fleet_gz")
HEAP = "3g"
# a run must end within 180 s; leave room for the build check and teardown
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat, or None where it is absent."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests during the run."""
    if not before or not after or len(before) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return round(delta[7] / total, 4) if total else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    started = time.monotonic()
    build.build()
    work = os.path.join(build.OUT, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    load_before = os.getloadavg()
    cpu_before = cpu_times()
    cmd = ["java", "-XX:-UsePerfData"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", build.classpath(), "perfbench.Main",
            a.workload, str(a.seed), repr(a.seconds), a.trace, work,
            os.path.join(build.OUT, f"spans-{a.workload}-{a.seed}.jsonl")]
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, JVM_TIMEOUT_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: the run did not finish in time")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_after = os.getloadavg()
    cpu_after = cpu_times()
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: the JVM exited with {proc.returncode} and no result")
    res = json.loads(lines[-1][len("PERFBENCH "):])

    ncpu = os.cpu_count()
    host = dict(res["host"])
    steal = steal_share(cpu_before, cpu_after)
    host.update({
        "nproc": ncpu,
        "loadavg_before": load_before[0],
        "loadavg_after": load_after[0],
        "heap": HEAP,
        "cpu_steal_share": steal,
        "trace": a.trace,
        # other work on the host, or on the hypervisor, while this run measured
        "interference_suspect":
            max(load_before[0], load_after[0]) > ncpu + 1 or (steal or 0) > 0.05,
    })
    print(json.dumps({"host": host}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
