"""The closed-loop service client: one request in flight, through the
program's public entry points only.

One iteration is what a user of the bulkload service does: submit a
request, drain the queue (``plans.jobs.JobQueue`` via
``BulkloadService.run_pending``), adopt the output (``/tsdb/load`` ->
``api.load_hfiles``, or ``hfile.validate_layout`` for HFile v3), then read
it back (``hfilescan`` range scans, or ``hfilev3.seek_row_hfile_v3``
point gets). Every answer is checked against the oracle; a wrong answer,
a job the queue dropped or a call that raised counts as a failed
operation.
"""

from __future__ import annotations

import os
import shutil
import time

import oracle
from workloads import ROLLUP_STEP

# a measured iteration's reads; the warm-up iteration makes one
SCANS_PER_ITERATION = 4
GETS_PER_ITERATION = 1000  # enough for a p99 with ten samples beyond it


class Client:
    def __init__(self, spark, spec, expected: dict, cells_path: str, out_root: str):
        from hbase_bulkload_service_spark.api import BulkloadService

        self.spark = spark
        self.spec = spec
        self.exp = expected
        self.out_root = out_root
        self.cells_path = cells_path
        self.svc = BulkloadService(spark, self.cells_of, out_root)
        self.samples: dict[str, list[float]] = {
            "request_s": [], "adopt_s": [], "read_ms": [], "bytes_per_cell": [],
        }
        self.attempted = 0
        self.failures: list[str] = []
        self.dropped = 0
        self.rows_out: list[int] = []
        self.outputs: list[tuple[str, int, int]] = []  # (container, files, bytes) per job
        self.regions_total = 0
        self.iterations = 0
        self._cursor = 0
        self.get_stats = {"gets": 0, "file_probes": 0, "bytes_read": 0,
                          "data_blocks_read": 0, "bloom_negative": 0}

    def cells_of(self, _table: str):
        """The service's scan source: the generated table, nothing else."""
        return self.spark.read.parquet(self.cells_path)

    def _fail(self, what: str) -> None:
        self.failures.append(what)

    # -- one iteration --------------------------------------------------------
    def iterate(self, record: bool = True, serve: bool = True) -> float | None:
        """One request, adoption and read batch; returns the request wall
        (submit until the output is committed), or None if it failed. An
        iteration that is not recorded (the warm-up) requests the window
        of ``exp["warmup"]``, skips adoption, whose readback passes the
        request has just run, and reads once; one that does not serve
        stops after the request."""
        full = self.exp
        if not record:
            self.exp = full["warmup"]
            get_stats = dict(self.get_stats)
        try:
            return self._iterate(record, serve)
        finally:
            if not record:
                self.exp = full
                self.get_stats = get_stats

    def _iterate(self, record: bool, serve: bool) -> float | None:
        k = self.iterations
        self.iterations += 1
        out = os.path.join(self.out_root, f"t{k}")
        submit = self._submit_v3 if self.spec.layout == "rollup" else self._submit_parquet
        t0 = time.perf_counter()
        jid = submit(k, out)
        results = self.svc.run_pending()
        req_s = time.perf_counter() - t0
        self.attempted += 1
        if jid not in results:
            # J5: the queue logs a failed job and drops it; the client
            # sees only that no result came back
            self.dropped += 1
            self._fail(f"job {jid} dropped by the queue: {self.svc.queue.failures.get(jid)!r}")
            return None
        if self.spec.layout == "rollup":
            self.manifest = results[jid]
            regions, out = _v3_regions(results[jid]), os.path.join(out, "v3")
            container = "v3"
        else:
            regions, out = results[jid]["regions"], os.path.join(out, str(self.exp["start_ms"]))
            container = "parquet"
        if regions != self.exp["manifest"]:
            self._fail(f"job {jid}: manifest differs from the oracle")
        files = _data_files(out)
        if record:
            self.rows_out.append(sum(r["rows"] for r in regions.values()))
            self.regions_total = len(regions)
            self.outputs.append((container, *files))
            self.samples["request_s"].append(req_s)
            self.samples["bytes_per_cell"].append(files[1] / self.exp["surviving_cells"])

        if serve:
            adopt_s = self._adopt(out) if record else None
            if self.spec.layout == "rollup":
                read_ms = self._get_batch(out, GETS_PER_ITERATION if record else 1)
            else:
                read_ms = self._scan_batch(out, SCANS_PER_ITERATION if record else 1)
            if record:
                if adopt_s is not None:
                    self.samples["adopt_s"].append(adopt_s)
                self.samples["read_ms"].extend(read_ms)
        shutil.rmtree(os.path.join(self.out_root, f"t{k}"), ignore_errors=True)
        return req_s

    def _submit_parquet(self, k: int, _out: str) -> str:
        from hbase_bulkload_service_spark.api import BulkloadRequest

        return self.svc.bulkload(
            BulkloadRequest("cells", f"t{k}", self.exp["start_ms"], self.exp["end_ms"])
        )

    def _submit_v3(self, k: int, out: str) -> str:
        """The v3 export job, queued on the service's own queue."""
        from hbase_bulkload_service_spark.operators import tsdb
        from hbase_bulkload_service_spark.sources import hfilev3

        exp = self.exp

        def job():
            cells = tsdb.hour_range_filter(self.cells_of("cells"), exp["start_ms"], exp["end_ms"])
            return hfilev3.write_hfilev3_files(
                tsdb.bulkload_kv(cells), os.path.join(out, "v3"), rollup=True,
                compression="SNAPPY", encoding="DIFF", bloom=True,
            )

        jid = f"v3-t{k}"
        self.svc.queue.submit(jid, job)
        return jid

    def _adopt(self, out: str) -> float | None:
        from hbase_bulkload_service_spark.sources import hfile

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.spec.layout == "rollup":
                hfile.validate_layout(self.spark, out, rollup=True)
                got = _v3_regions(self.manifest)
            else:
                got = self.svc.load_hfiles(out)["regions"]
        except Exception as exc:  # noqa: BLE001 -- a refused adoption is a failed op
            self._fail(f"adopt {out} raised {exc!r}")
            return None
        wall = time.perf_counter() - t0
        if got != self.exp["manifest"]:
            self._fail(f"adopt {out}: manifest differs from the oracle")
        return wall

    # -- reads ----------------------------------------------------------------
    def scan_action(self, df):
        """The scan's action: the rows, as one Arrow table."""
        return df.toArrow()

    def _scan_batch(self, out: str, n: int) -> list[float]:
        from pyspark.sql import functions as F

        scans = self.exp["scans"]
        lat = []
        for _ in range(n):
            b = scans[self._cursor % len(scans)] * 8
            self._cursor += 1
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = (
                    self.spark.read.format("hfilescan").option("path", out).load()
                    .filter((F.col("key_hex") >= f"{b:04X}") & (F.col("key_hex") < f"{b + 8:04X}"))
                    .select("key", "qualifier", "value")
                )
                tbl = self.scan_action(df)
            except Exception as exc:  # noqa: BLE001 -- a raising scan is a failed op
                self._fail(f"scan buckets {b}..{b + 7} raised {exc!r}")
                continue
            lat.append((time.perf_counter() - t0) * 1000)
            want = (
                sum(self.exp["bucket_counts"][b : b + 8]),
                sum(self.exp["bucket_digests"][b : b + 8]) & ((1 << 64) - 1),
            )
            got = oracle.digest_of_cells(
                tbl.column("key").to_pylist(),
                b"".join(tbl.column("qualifier").to_pylist()),
                b"".join(tbl.column("value").to_pylist()),
            )
            if got != want:
                self._fail(f"scan buckets {b}..{b + 7}: {got[0]} rows, oracle {want[0]}")
        return lat

    def _get_batch(self, out: str, n: int) -> list[float]:
        by_region: dict[int, list[tuple[str, str, str, int]]] = {}
        for m in self.manifest:
            fname = os.path.join(out, m["file"])
            by_region.setdefault(m["region"], []).append(
                (m["min_key_hex"], m["max_key_hex"], fname, os.path.getsize(fname))
            )
        gets = self.exp["gets"]
        lat = []
        for _ in range(n):
            key_hex, want_n, want_d = gets[self._cursor % len(gets)]
            self._cursor += 1
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                cells = self.get(by_region, key_hex)
            except Exception as exc:  # noqa: BLE001 -- a raising get is a failed op
                self._fail(f"get {key_hex} raised {exc!r}")
                continue
            lat.append((time.perf_counter() - t0) * 1000)
            got = oracle.digest_of_cells(
                [c[0] for c in cells], b"".join(c[2] for c in cells), b"".join(c[4] for c in cells)
            )
            if got != (want_n, want_d):
                self._fail(f"get {key_hex}: {got[0]} cells, oracle {want_n}")
        return lat

    def get(self, by_region, key_hex: str) -> list:
        """Region-server read: route the row to the files of its region
        whose key range covers it, then seek each."""
        from hbase_bulkload_service_spark.sources import hfilev3

        row = bytes.fromhex(key_hex)
        cells = []
        st = self.get_stats
        st["gets"] += 1
        for lo, hi, fname, size in by_region.get(int(key_hex[:4], 16) // ROLLUP_STEP, ()):
            if lo <= key_hex <= hi:
                stats: dict = {}
                cells.extend(hfilev3.seek_row_hfile_v3(fname, row, stats))
                st["file_probes"] += 1
                st["bytes_read"] += size
                st["data_blocks_read"] += stats["data_blocks_read"]
                st["bloom_negative"] += stats["bloom_negative"]
        return cells


def _v3_regions(manifest: list[dict]) -> dict:
    """Per-file v3 manifest folded to the per-region form the oracle uses."""
    out: dict[str, dict] = {}
    for m in manifest:
        r = out.setdefault(str(m["region"]), {"rows": 0, "min_key_hex": m["min_key_hex"],
                                              "max_key_hex": m["max_key_hex"]})
        r["rows"] += m["rows"]
        r["min_key_hex"] = min(r["min_key_hex"], m["min_key_hex"])
        r["max_key_hex"] = max(r["max_key_hex"], m["max_key_hex"])
    return out


def _data_files(root: str) -> tuple[int, int]:
    """(count, bytes) of the files adoption takes: parquet parts or HFiles."""
    sizes = [
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith((".parquet", ".hfile"))
    ]
    return len(sizes), sum(sizes)
