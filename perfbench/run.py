#!/usr/bin/env python3
"""Benchmark command for whale_sightings_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout: the program is imported from there.
Every input is generated from ``--seed`` under ``.perfbench_work/``.
With ``--trace 0`` the last stdout line is a JSON object carrying every
end-to-end metric; with ``--trace 1`` it carries the per-layer metrics,
and the spans are written to ``.perfbench_work/spans/``. Lines before it
are a human-readable account of the run. The exit code is 0 only when
the run completed; output checks that fail set ``"correct": false``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "whale_sightings_spark")
WORKLOADS = ("etl_ingest", "analytics")

#: local[4] and a 4g driver: the host this benchmark was sized on has 4
#: cores and 15 GB without swap, where the session default of 48g cannot
#: be honoured
CPUS = "4"
DRIVER_MEM = "4g"


def _process_age_s() -> float:
    """Seconds since this process was started (exec of the interpreter)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS of this process and of its largest reaped child (the
    Spark driver JVM, once the session has stopped)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    child = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return own / 1024.0, child / 1024.0


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def reap_orphan_jvms() -> list[int]:
    """Kill Spark driver JVMs whose Python parent is gone (ppid 1): a
    killed earlier run leaves one behind, contending with this run."""
    out = subprocess.run(["ps", "-eo", "pid,ppid,args"], capture_output=True,
                         text=True, timeout=10).stdout
    killed = []
    for line in out.splitlines()[1:]:
        parts = line.split(None, 2)
        if len(parts) == 3 and parts[1] == "1" and "org.apache.spark.deploy.SparkSubmit" in parts[2]:
            try:
                os.kill(int(parts[0]), signal.SIGKILL)
                killed.append(int(parts[0]))
            except OSError:
                pass
    return killed


class Bench:
    """What a workload needs from the harness: the session, the tracer,
    a work directory and the between-ops hygiene."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.index_dir = os.path.join(work, "index")
        self.spark = None
        self.tracer = None

    @staticmethod
    def say(line: str) -> None:
        print(line, flush=True)

    def start_session(self):
        from whale_sightings_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.streaming.checkpointLocation": os.path.join(self.work, "checkpoints"),
        })
        self.tracer.attach(self.spark)
        return self.spark

    def between_ops(self) -> None:
        # global_row_number persists a frame it never unpersists; without
        # the clear a repeated op is partly served from the last one's cache
        self.spark.catalog.clearCache()
        gc.collect()

    def jvm_gc_ms(self) -> int:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def stop_session(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        self.spark = None


def main(argv=None) -> int:
    t_main = time.perf_counter()
    age_at_main = _process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: no program to measure: {PKG_DIR} is missing; "
              "run from the root of a whale_sightings_spark checkout", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "index"), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_INDEX_DIR": os.path.join(work, "index"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    from spans import Tracer  # noqa: E402 - after sys.path is set

    bench = Bench(args, work)
    bench.tracer = Tracer(bool(args.trace))
    killed = reap_orphan_jvms()
    load_start = os.getloadavg()
    cpu_start = cpu_jiffies()
    bench.say(f"perfbench: workload={args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} local[{CPUS}] driver={DRIVER_MEM} loadavg={load_start[0]:.2f}"
              + (f" reaped_jvms={killed}" if killed else ""))
    if args.workload == "etl_ingest":
        import etl as workload
    else:
        import analytics as workload

    try:
        result = workload.run(bench, lambda: age_at_main + time.perf_counter() - t_main)
        index_left = os.listdir(bench.index_dir)
    finally:
        bench.stop_session()
    load_end = os.getloadavg()
    cpu_end = cpu_jiffies()
    steal = (cpu_end[1] - cpu_start[1]) / max(1, cpu_end[0] - cpu_start[0])

    correct = result["correct"] and not index_left
    if index_left:
        bench.say(f"check FAILED: the program left {index_left} in its index dir")
    cpu = os.times()
    bench.say(f"loadavg start={load_start[0]:.2f} end={load_end[0]:.2f}; host cpu steal {steal:.1%}; "
              f"cpu used {cpu.user + cpu.system + cpu.children_user + cpu.children_system:.1f}s; "
              f"wall={time.perf_counter() - t_main:.1f}s; "
              f"verdict={'PASS' if correct else 'FAIL'} "
              f"({result['failed']} of {result['attempted']} ops failed)")

    if args.trace:
        spans_dir = os.path.join(work_root, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
        bench.tracer.dump(path, t_main)
        bench.say(f"spans: {len(bench.tracer.spans)} written to {os.path.relpath(path, ROOT)}")
        metrics = result["per_layer"]
    else:
        metrics = result["end_to_end"]
    own_mb, jvm_mb = peak_rss_mb()
    bench.say(f"peak rss: this process {own_mb:.0f} MB, driver JVM {jvm_mb:.0f} MB")
    for name, m in metrics.items():
        bench.say(f"  {name:34s} {m['value']:.6g} {m['unit']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": bool(correct), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
