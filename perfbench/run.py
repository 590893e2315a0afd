#!/usr/bin/env python3
"""perfbench: the ETL-cycle benchmark of this repository.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test

Workloads (traffic dimensions in perfbench/workloads.json):
  etl_cycle     steady 5-minute cycles: flow rollup, edge merge, topology
                every 3rd cycle, declared deps on deploys, snapshot commit
                and retention, G-queries served after every commit;
  operator_mix  extension-operator queries over the fixed seed-42 tables.

Builds the library and the benchmark from source (build.py), runs one JVM
(perfbench.Main) for the workload, checks its outputs (the ETL against a
plain-Scala reference model inside the JVM, the mix against DuckDB here),
prints every metric by name and unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end-to-end ones, with --trace 1 its per-layer ones.
The full report and, for traced runs, the spans land in .bench_out/.
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

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402

WORKLOADS = ("etl_cycle", "operator_mix")
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def java(classes: Path, main: str, args: list, work: Path, heap: str = "3g") -> list:
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cp = f"{classes}:{build.spark_jars()}/*"
    # A fixed heap and capped GC threads: heap resizing and GC worker
    # threads racing the task threads for cores move run times. Compile
    # thresholds at a tenth of the default: with the defaults the C2 JIT
    # was still speeding ETL cycles up by a third after 100 s, so a run's
    # median hung on how many cycles fit; at a tenth the cycles reach the
    # same steady time within a few rounds.
    return ["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", "-Xss4m", "-XX:+UseG1GC",
            "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
            "-XX:CompileThresholdScaling=0.1", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, main, *args]


def run_jvm(cmd: list, timeout: float, log: Path) -> int:
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True, cwd=ROOT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"perfbench: JVM exceeded {timeout:.0f} s, killed", file=sys.stderr)
            return -1
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


CALIBRATION_SQL = "SELECT sum(hash(i) % 1000) FROM range(6000000) t(i)"


def calibrate() -> float:
    """Best-of-three time of a fixed single-threaded DuckDB query, taken
    outside the benchmark JVM so JIT warm-up cannot move it."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(CALIBRATION_SQL).fetchall()
            best = min(best, time.perf_counter() - t0)
        return best
    finally:
        con.close()


def cpu_jiffies() -> tuple:
    """(steal, total) CPU time of the host's CPUs from /proc/stat; steal is
    the time a virtual CPU was runnable but the hypervisor ran something
    else. (0, 0) where the file is missing."""
    try:
        v = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return (v[7] if len(v) > 7 else 0), sum(v)


# Steal share above which a run counts as contaminated: quiet runs of this
# benchmark on a shared 4-vCPU VM measured 0.003-0.009, and two of three
# operator_mix runs near 0.05 were 25-35% slower.
STEAL_LIMIT = 0.02


def probe() -> tuple:
    return os.getloadavg()[0], calibrate(), cpu_jiffies()


def noise_check(start: tuple, end: tuple, bound: float) -> dict:
    """Host-noise self-check: loadavg, the calibration query and the CPU
    steal share, from the start to the end of the run. A calibration drift
    beyond the benchmark's tightest bound, or a steal share above
    STEAL_LIMIT, marks the run contaminated."""
    (load0, cal0, (st0, tot0)), (load1, cal1, (st1, tot1)) = start, end
    drift = cal1 / cal0 - 1
    steal = (st1 - st0) / (tot1 - tot0) if tot1 > tot0 else 0.0
    return {"loadavg_start": load0, "loadavg_end": load1,
            "calibration_start_s": cal0, "calibration_end_s": cal1,
            "calibration_drift": drift, "bound": bound, "steal_frac": steal,
            "steal_limit": STEAL_LIMIT, "cores": os.cpu_count(),
            "contaminated": abs(drift) > bound or steal > STEAL_LIMIT}


def self_test() -> int:
    classes = build.build(test=True)
    work = ROOT / ".bench_work" / f"selftest-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        log = work / "selftest.log"
        rc = run_jvm(java(classes, "perfbench.SelfTest", [str(ROOT), str(work)], work),
                     600, log)
        print(log.read_text())
        return rc
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    bound = min(m["bound"] for m in spec["end_to_end"])
    classes = build.build()
    start = probe()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = ROOT / ".bench_work" / f"{tag}-{os.getpid()}"
    outs = ROOT / ".bench_out"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    outs.mkdir(exist_ok=True)
    report_path = outs / f"{tag}.json"
    report_path.unlink(missing_ok=True)
    try:
        cmd = java(classes, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--bench-dir", str(BENCH), "--work", str(work),
            "--out", str(report_path)], work)
        rc = run_jvm(cmd, JVM_TIMEOUT_S, outs / f"{tag}.log")
        if rc != 0 or not report_path.exists():
            print(f"perfbench: run failed (exit {rc}); log in {outs / f'{tag}.log'}",
                  file=sys.stderr)
            return 1
        rep = json.loads(report_path.read_text())
        rep["info"]["noise"] = noise_check(start, probe(), bound)
        if a.workload == "operator_mix":
            import oracle
            spec = json.loads((BENCH / "workloads.json").read_text())["operator_mix"]
            verdict = oracle.check(BENCH / spec["data"], work / "mix_out")
            for q, why in sorted(verdict.items()):
                rep["attempted"] += 1
                if why is not None:
                    rep["failed"] += 1
                    rep["errors"].append(f"{q}: oracle mismatch: {why}")
            rep["info"]["oracle"] = verdict
        report_path.write_text(json.dumps(rep, indent=1))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in rep["errors"]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    for kind in ("end_to_end", "per_layer"):
        for k, m in rep[kind].items():
            print(f"{kind} {k} = {m['value']} {m['unit']}")
    for k, v in rep["info"].items():
        print(f"info {k} = {json.dumps(v)}")
    pool = rep["per_layer"] if a.trace else rep["end_to_end"]
    missing = [n for n in names if n not in pool or pool[n]["value"] is None]
    if missing:
        print(f"perfbench: report lacks metrics {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": rep["failed"] == 0,
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {n: pool[n] for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
