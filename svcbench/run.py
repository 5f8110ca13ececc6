"""Service benchmark for the bulkload path.

    python3 svcbench/run.py --workload bulk_daily --seed 1 --seconds 5 --trace 0

Run from the repository root. One closed-loop client (one request in
flight) drives the service on ``local[<cores>]``; ``workloads.py`` says
what each workload stresses and ``client.py`` what one iteration does.
The inputs come from ``gen.py`` in a child process, seeded by ``--seed``.

Set-up (import, ``get_spark``, registering ``hfilescan`` and one warm-up
request of the workload's own shape over the newest hour of its table,
with one read of its output) is timed as ``setup_s``. Then the client iterates until ``--seconds`` have
passed; an iteration takes longer than that, so a run measures one. The
second to last stdout line is a readable summary; the last is the
result: with ``--trace 0`` the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a run whose iterations are untraced, traced,
untraced (``spans.py``). A wrong answer still exits 0, with
``"correct": false``; a run that cannot complete exits non-zero without
a result line.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import WORKLOADS  # noqa: E402

WARMUP_ITERATIONS = 1


def _median(xs):
    return statistics.median(xs) if xs else None


def _pct(xs, q: float):
    """Nearest-rank percentile, or None unless ten samples lie beyond it."""
    if len(xs) * (1 - q) < 10:
        return None
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


# -- machine calibration -------------------------------------------------------
def calib_py_ms() -> float:
    """A fixed pure-Python loop; tracks machine speed, not the program."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t0) * 1000


def calib_jvm_ms(spark) -> float:
    """A fixed JVM-only Spark job (codegen loop, no shuffle, no Python)."""
    spark.sparkContext.setJobGroup("svcbench-calib", "machine calibration")
    t0 = time.perf_counter()
    spark.range(0, 30_000_000, numPartitions=4).selectExpr("sum(hash(id) % 7)").collect()
    return (time.perf_counter() - t0) * 1000


# -- processes and memory ------------------------------------------------------
def hwm_kb(pid: int) -> int:
    """Kernel peak resident set (VmHWM) of a live process, in KiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def memory_mb(spark) -> dict:
    """High-water marks in MiB: this Python process, the Spark driver
    (getrusage), the JVM and the largest Python worker under it (VmHWM)."""
    jvm = spark.sparkContext._gateway.proc.pid
    return {
        "driver": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "jvm": hwm_kb(jvm) / 1024,
        "worker": max(map(hwm_kb, descendants(jvm)), default=0) / 1024,
    }


class Session:
    """The Spark session of one run, with every scratch path inside the
    work directory; closing it stops Spark and waits for the JVM and its
    Python workers to end."""

    def __init__(self, work: str):
        from hbase_bulkload_service_spark.session import get_spark
        from hbase_bulkload_service_spark.sources import hfilescan

        tmp = os.path.join(work, "tmp")
        self.spark = get_spark(
            app_name="svcbench",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            **{
                "spark.driver.memory": "2g",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        hfilescan.register(self.spark)

    def close(self) -> None:
        proc = self.spark.sparkContext._gateway.proc
        workers = descendants(proc.pid)
        self.spark.stop()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)


def generate(workload: str, seed: int, out: str) -> dict:
    """Run the seeded generator in its own process; return the oracle."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
         "--seed", str(seed), "--out", out],
        check=True,
    )
    with open(os.path.join(out, "oracle.json")) as fh:
        return json.load(fh)


def work_dir(name: str) -> str:
    """A fresh directory under the checkout for inputs, outputs and every
    temporary file of Spark and Python."""
    work = os.path.abspath(os.path.join(".svcbench_work", f"{name}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")  # shuffle and spill files
    # no hsperfdata files in /tmp from the JVMs spark-submit starts
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # Python workers unpickle the program's functions by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return work


# -- one run -------------------------------------------------------------------
def run(spec, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, dict]:
    """Generate, set up, warm up, measure. Returns (summary, result)."""
    expected = generate(spec.name, seed, os.path.join(work, "input"))

    t0 = time.perf_counter()
    import pyspark  # noqa: F401

    from client import Client

    import_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    session = Session(work)
    spark = session.spark
    start_s = time.perf_counter() - t0
    try:
        client = Client(
            spark, spec, expected,
            os.path.join(work, "input", "cells"), os.path.join(work, "out"),
        )
        t0 = time.perf_counter()
        for _ in range(WARMUP_ITERATIONS):
            client.iterate(record=False)
        warmup_s = time.perf_counter() - t0

        calib_py, calib_jvm = [calib_py_ms()], [calib_jvm_ms(spark)]
        tracer = None
        if trace:
            from spans import Tracer

            tracer = Tracer()
            tracer.install(client)
        walls: dict[bool, list[float]] = {True: [], False: []}
        t_measure = time.time()
        t_end = time.perf_counter() + seconds
        n = 0
        while True:
            if tracer:
                # iterations run in blocks of three, untraced - traced -
                # untraced, so a linear warm-up trend cancels out of the
                # tracing overhead (the ratio of their request walls);
                # untraced iterations serve only that ratio, so they stop
                # after the request
                tracer.enabled = n % 3 == 1
            wall = client.iterate(serve=not tracer or tracer.enabled)
            n += 1
            if tracer and wall is not None:
                walls[tracer.enabled].append(wall)
            if time.perf_counter() >= t_end and (not tracer or n % 3 == 0):
                break
        if tracer:
            tracer.uninstall()
        mem = memory_mb(spark)
        calib_py.append(calib_py_ms())
        calib_jvm.append(calib_jvm_ms(spark))
        layers = {}
        if tracer:
            import sparkapi
            from spans import layer_report

            time.sleep(1.0)  # let the UI listener catch up with the last job
            layers = layer_report(tracer, client, sparkapi.completed_jobs(spark, t_measure))
            layers["trace.overhead_share"] = (
                _median(walls[True]) / _median(walls[False]) - 1, "ratio")
    finally:
        session.close()

    s = client.samples
    reads = s["read_ms"]
    read_name = "get" if spec.layout == "rollup" else "scan"
    # The client's throughput and what it waits for per call. On a shared
    # host these follow the host's CPU speed too closely to gate, so they
    # are printed in the summary and reported by the traced run.
    cells_per_s = (expected["input_cells"] / _median(s["request_s"]), "1/s")
    client_metrics = {
        "client.bulkload_cells_per_s": cells_per_s,
        "client.adopt_s": (_median(s["adopt_s"]), "s"),
        "client.read_p50_ms": (_median(reads), "ms"),
        "client.ops_failed_ratio": (len(client.failures) / max(client.attempted, 1), "ratio"),
    }
    summary = {
        "workload": spec.name,
        "seed": seed,
        "input_cells": expected["input_cells"],
        "surviving_cells": expected["surviving_cells"],
        "iterations": len(s["request_s"]),
        "reads": len(reads),
        "request_s": s["request_s"],
        "bulkload_cells_per_s": cells_per_s,
        "adopt_s": client_metrics["client.adopt_s"],
        f"{read_name}_p50_ms": client_metrics["client.read_p50_ms"],
        f"{read_name}_p99_ms": (_pct(reads, 0.99), "ms"),
        "ops_failed_ratio": client_metrics["client.ops_failed_ratio"],
        "setup_parts_s": [import_s, start_s, warmup_s],
        "calib_py_ms": calib_py,
        "calib_jvm_ms": calib_jvm,
        "failures": client.failures[:10],
    }
    if trace:
        metrics = {
            "session.import_s": (import_s, "s"),
            "session.start_s": (start_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            "calib.py_loop_ms": (statistics.fmean(calib_py), "ms"),
            "calib.jvm_loop_ms": (statistics.fmean(calib_jvm), "ms"),
            "spark.jvm_peak_rss_mb": (mem["jvm"], "MiB"),
            "py.driver_peak_rss_mb": (mem["driver"], "MiB"),
            "py.worker_peak_rss_mb": (mem["worker"], "MiB"),
            **client_metrics,
            **layers,
        }
    else:
        metrics = {
            "setup_s": (import_s + start_s + warmup_s, "s"),
            "bytes_per_cell": (_median(s["bytes_per_cell"]), "B"),
            "py_peak_rss_mb": (mem["driver"] + mem["worker"], "MiB"),
        }
    result = {
        "correct": not client.failures,
        "attempted": client.attempted,
        "failed": len(client.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return summary, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="service benchmark for the bulkload path")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if importlib.util.find_spec("hbase_bulkload_service_spark") is None:
        print("svcbench: the program package is not in this checkout", file=sys.stderr)
        return 2
    work = work_dir(f"{args.workload}-{args.seed}")
    try:
        summary, result = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(summary))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
