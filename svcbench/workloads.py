"""Workload definitions shared by the generator, the oracle and the runner.

Each workload is one closed-loop client (one request in flight) driving
the service on its own generated table of OpenTSDB cell versions.

- ``bulk_daily``: one ``/tsdb/bulkload`` request over 24 hours in the raw
  512-region parquet layout, then ``/tsdb/load`` adoption and 8-bucket
  ``hfilescan`` range scans. Its 64 series salt into about 60 of the 512
  regions; the request writes, and its readback passes (``build_manifest``,
  ``validate_layout``) reopen, one directory per region, as in the
  reference system. Per-request fixed cost (task and file overhead, the
  readback jobs) outweighs per-cell work at this size. It is the only
  workload on the parquet writer, adoption and scan paths.
- ``v3_serve``: ``bulkload_kv`` -> ``write_hfilev3_files`` with the
  reference DDL (SNAPPY, DIFF, ROW bloom) in the 64-region rollup layout,
  then ``validate_layout`` and point gets. It is the only workload on the
  pure-Python HFile v3 writer, the Python/Arrow boundary, the duplicate
  range exchange and the region-server read path.

The sizes (about 50k and 25k cell versions) keep one run of either
workload, with its Spark start and cold first request, under a minute on
four cores.
"""

from __future__ import annotations

from dataclasses import dataclass

BASE_HOUR_SEC = 1_704_067_200  # 2024-01-01T00:00Z
HOUR_MS = 3_600_000
ROLLUP_STEP = 8  # hfile.ROLLUP_BUCKETS_PER_REGION; restated so the oracle stays independent
DUP_SHARE = 0.05  # share of cell versions that get one newer duplicate
ABSENT_SHARE = 0.10  # share of point gets that ask for a row no series has


@dataclass(frozen=True)
class Workload:
    name: str
    salt: int  # separates the workloads' random streams for one seed
    series: int
    hours: int
    layout: str  # "raw": parquet, 512 regions, scans; "rollup": HFile v3, 64 regions, gets
    points_per_hour: int  # one point per slot of 3600 / points_per_hour seconds
    reads: int  # distinct reads the oracle answers (scan windows or get rows), used in turn


WORKLOADS = {
    w.name: w
    for w in (
        Workload("bulk_daily", 1, series=64, hours=24, layout="raw", points_per_hour=32, reads=64),
        Workload("v3_serve", 3, series=1000, hours=2, layout="rollup", points_per_hour=12, reads=4000),
    )
}
