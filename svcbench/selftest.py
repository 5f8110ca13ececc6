"""Self-test of the benchmark: the oracle, its fault detection and the
trace accounting.

    python3 svcbench/selftest.py

Run from the repository root; it takes a few minutes. It checks the
oracle's Java arithmetic, then runs each workload for a clean warm-up
and one clean iteration (which must pass) and one iteration per seeded
fault (each must fail):
a cell missing from the program's input, a row dropped from a scan
result, one wrong byte in a get result, and a job the queue drops. Last
it traces one iteration per workload and checks that every layer call
the workload makes left its span, in its place in the tree, that child
spans and Spark jobs cover all but ``UNACCOUNTED_MAX`` of each queued
job's wall, and that every Spark job of the iteration found a span.
Exits 0 when every check passes.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import oracle  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

FAILED: list[str] = []

# spans a traced iteration must hold, by layout: inside the queued job,
# and outside it (adoption and reads)
JOB_SPANS = {
    "raw": {"tsdb.hour_range_filter", "tsdb.bulkload_kv", "hfile.write_hfiles",
            "hfile.build_manifest", "hfile.validate_layout"},
    "rollup": {"tsdb.hour_range_filter", "tsdb.bulkload_kv", "hfilev3.write_hfilev3_files"},
}
CLIENT_SPANS = {
    "raw": {"api.bulkload", "api.run_pending", "api.load_hfiles", "hfile.validate_layout",
            "hfile.build_manifest", "hfilescan.scan"},
    "rollup": {"api.run_pending", "hfile.validate_layout", "hfilev3.seek_row_hfile_v3"},
}
# most of a job's wall runs in Spark jobs or layer calls; the rest is
# the job's own Python (about 1% when measured)
UNACCOUNTED_MAX = 0.10


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILED.append(what)


def check_oracle() -> None:
    check(oracle.java_arrays_hashcode(b"") == 1, "Arrays.hashCode of no bytes is 1")
    # String.hashCode("hello") = 99162322; Arrays.hashCode adds 31**5 for h0 = 1
    check(oracle.java_arrays_hashcode(b"hello") == 31**5 + 99162322, "Arrays.hashCode(hello)")
    check(oracle.java_arrays_hashcode(b"\xff") == 30, "bytes are signed: 31*1 + (-1)")
    for data in (b"host=h000123,dc=dc4" * 3, bytes(range(256))):
        # closed form: 31**n + sum b_i * 31**(n-1-i), wrapped to int32
        n = len(data)
        v = (31**n + sum((b - 256 if b > 127 else b) * 31 ** (n - 1 - i) for i, b in enumerate(data))) % 2**32
        check(oracle.java_arrays_hashcode(data) == (v - 2**32 if v >= 2**31 else v),
              f"Arrays.hashCode wraps like int32 ({n} bytes)")
    check(oracle.java_rem(-1029, 512) == -5 and oracle.java_rem(1029, 512) == 5,
          "Java % keeps the dividend's sign")
    hashes = ((t, oracle.java_arrays_hashcode((7).to_bytes(3, "big") + t.encode()))
              for t in (f"host=h{i:06d},dc=dc0" for i in range(1000)))
    tag, h = next((t, h) for t, h in hashes if h < 0 and h % 512)
    check(oracle.salt_bucket(7, tag) == (-h) % 512 != h % 512,
          "a negative hash salts to -(h % n) in Java's sense, not Python's h % n")
    keys, q, v = [b"a", b"b", b"a"], np.array([1, 2, 3], ">u2"), np.array([5, 6, 7], ">u8")
    d1 = oracle.digest_of_cells(keys, q.tobytes(), v.tobytes())
    d2 = oracle.digest_of_cells(keys[::-1], q[::-1].tobytes(), v[::-1].tobytes())
    v2 = v.copy()
    v2[1] += 1
    d3 = oracle.digest_of_cells(keys, q.tobytes(), v2.tobytes())
    check(d1 == d2 and d1 != d3, "cell digests ignore order and see one changed value")


def faults(client) -> list[tuple[str, object]]:
    """(name, inject) pairs; inject(client) returns an undo callable."""

    def drop_input_cell(c):
        """Drop a cell with a single version: it survives dedup, so its
        region's row count must change."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        table = pq.read_table(c.cells_path, columns=["rowkey", "qualifier"])
        counts = table.group_by(["rowkey", "qualifier"]).aggregate([([], "count_all")])
        only = counts.filter(pc.equal(counts["count_all"], 1)).slice(0, 1).to_pylist()[0]
        orig = c.cells_of
        c.cells_of = lambda t: orig(t).filter(
            ~((F.col("rowkey") == only["rowkey"]) & (F.col("qualifier") == only["qualifier"])))
        c.svc.cells_of = c.cells_of
        return lambda: (setattr(c, "cells_of", orig), setattr(c.svc, "cells_of", orig))

    def drop_scan_row(c):
        orig = c.scan_action
        c.scan_action = lambda df: orig(df).slice(1)
        return lambda: setattr(c, "scan_action", orig)

    def wrong_get_value(c):
        orig = c.get

        def get(by_region, key_hex):
            cells = orig(by_region, key_hex)
            if cells:
                r, f, q, ts, v = cells[0]
                cells[0] = (r, f, q, ts, v[:-1] + bytes([v[-1] ^ 1]))
            return cells

        c.get = get
        return lambda: setattr(c, "get", orig)

    def queue_drops_job(c):
        orig = c.cells_of

        def boom(_t):
            raise RuntimeError("injected scan failure")

        c.cells_of = boom
        c.svc.cells_of = boom
        return lambda: (setattr(c, "cells_of", orig), setattr(c.svc, "cells_of", orig))

    out = [("a missing input cell", drop_input_cell), ("a job the queue drops", queue_drops_job)]
    out.append(("a wrong get value", wrong_get_value) if client.spec.layout == "rollup"
               else ("a dropped scan row", drop_scan_row))
    return out


def check_workload(spark, spec, work: str) -> None:
    from client import Client

    expected = run.generate(spec.name, 1, os.path.join(work, spec.name, "input"))
    client = Client(spark, spec, expected, os.path.join(work, spec.name, "input", "cells"),
                    os.path.join(work, spec.name, "out"))
    client.iterate(record=False)
    check(not client.failures, f"{spec.name}: a clean warm-up passes {client.failures[:3]}")
    client.iterate()
    check(not client.failures, f"{spec.name}: a clean iteration passes {client.failures[:3]}")
    for name, inject in faults(client):
        before = len(client.failures)
        undo = inject(client)
        try:
            client.iterate()
        finally:
            undo()
        check(len(client.failures) > before, f"{spec.name}: {name} fails the run")

    import sparkapi
    from spans import Tracer, layer_report, unaccounted

    tracer = Tracer()
    tracer.install(client)
    tracer.enabled = True
    t0 = time.time()
    client.iterate()
    tracer.uninstall()
    time.sleep(1.0)
    report = layer_report(tracer, client, sparkapi.completed_jobs(spark, t0))
    (it,) = tracer.roots
    job_spans = [s for s in it.walk() if s.name == "job"]
    check(len(job_spans) == 1, f"{spec.name}: the traced iteration has one queued job span")
    for js in job_spans:
        inside = {s.name for s in js.walk()}
        outside = {s.name for s in it.walk() if not _within(s, js)}
        check(JOB_SPANS[spec.layout] <= inside,
              f"{spec.name}: job {js.req} holds its layer spans, missing "
              f"{sorted(JOB_SPANS[spec.layout] - inside)}")
        check(CLIENT_SPANS[spec.layout] <= outside,
              f"{spec.name}: the iteration holds its layer spans outside the job, missing "
              f"{sorted(CLIENT_SPANS[spec.layout] - outside)}")
        check(any(s.spark_jobs for s in js.walk()),
              f"{spec.name}: job {js.req} has Spark jobs attributed")
        share = unaccounted(js) / js.wall
        check(share <= UNACCOUNTED_MAX,
              f"{spec.name}: job {js.req} wall covered by spans and Spark jobs but {share:.3f}")
    check(report["spark.jobs_attributed_share"][0] == 1.0,
          f"{spec.name}: every Spark job of the iteration found a span")


def _within(span, ancestor) -> bool:
    while span is not None:
        if span is ancestor:
            return True
        span = span.parent
    return False


def main() -> int:
    check_oracle()
    work = run.work_dir("selftest")
    try:
        session = run.Session(work)
        try:
            for spec in WORKLOADS.values():
                check_workload(session.spark, spec, work)
        finally:
            session.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(FAILED)} check(s) failed" if FAILED else "all checks passed")
    return 1 if FAILED else 0


if __name__ == "__main__":
    sys.exit(main())
