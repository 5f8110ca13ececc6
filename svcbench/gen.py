"""Seeded input generator for the service benchmark; runs as its own process.

    python3 svcbench/gen.py --workload bulk_daily --seed 7 --out DIR

writes ``DIR/cells/part-NNNNN.parquet`` (the only thing the program under
test reads: long-form OpenTSDB cell versions, the schema
``BulkloadService.cells_of`` hands to ``tsdb.hour_range_filter``) and
``DIR/oracle.json`` (the expected answers, from ``oracle.py``, for the
measured request and, under ``warmup``, for the warm-up request). Running it
in a child process keeps its time and memory out of the benchmark's
``setup_s`` and ``py_peak_rss_mb``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
from workloads import BASE_HOUR_SEC, DUP_SHARE, WORKLOADS  # noqa: E402

N_FILES = 8  # input splits; fixed so the plan does not depend on the host


def make_cells(rng: np.random.Generator, spec):
    """Cell versions as flat arrays: series index, hour index, offset in
    hour (s), version (ms), value. Each (series, hour) has
    ``points_per_hour`` points, one per slot at a random offset in it; a
    ``DUP_SHARE`` of them gets one newer version with another value."""
    series, hours, pph = spec.series, spec.hours, spec.points_per_hour
    metric = rng.integers(0, 48, series).astype(np.int64)
    host = rng.choice(series * 8, size=series, replace=False)
    dc = rng.integers(0, 6, series)
    tags = [f"host=h{h:06d},dc=dc{d}" for h, d in zip(host, dc)]

    n_sh = series * hours
    n = n_sh * pph
    s = np.repeat(np.arange(series, dtype=np.int64), hours * pph)
    h = np.tile(np.repeat(np.arange(hours, dtype=np.int64), pph), series)
    slot = np.tile(np.arange(pph, dtype=np.int64), n_sh)
    off = slot * (3600 // pph) + rng.integers(0, 3600 // pph, n)
    ts_ms = (BASE_HOUR_SEC + h * 3600 + off) * 1000
    ver = ts_ms + rng.integers(0, 1000, n)
    val = np.round(rng.normal(100.0, 25.0, n), 3)

    dup = np.flatnonzero(rng.random(n) < DUP_SHARE)
    s = np.concatenate([s, s[dup]])
    h = np.concatenate([h, h[dup]])
    off = np.concatenate([off, off[dup]])
    ver = np.concatenate([ver, ver[dup] + rng.integers(1000, 60_000, dup.size)])
    val = np.concatenate([val, np.round(rng.normal(100.0, 25.0, dup.size), 3)])

    order = rng.permutation(s.size)
    return metric, tags, s[order], h[order], off[order], ver[order], val[order]


def _fixed_binary(raw: bytes, width: int, n: int) -> pa.Array:
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(raw)]
    )


def cells_table(metric, tags, s, h, off, ver, val) -> pa.Table:
    """The program's input schema (see ``tsdb.derive_tsdb_cells``):
    rowkey = metric(3B BE) | hour(4B BE) | tags, qualifier = offset (2B
    BE), value = BE double."""
    hours = int(h.max()) + 1
    hour_sec = BASE_HOUR_SEC + np.arange(hours, dtype=np.int64) * 3600
    rowkeys = [
        int(metric[si]).to_bytes(3, "big") + int(hour_sec[hi]).to_bytes(4, "big")
        + tags[si].encode()
        for si in range(len(tags))
        for hi in range(hours)
    ]
    n = s.size
    sh = s * hours + h
    return pa.table(
        {
            "metric_id": pa.array(metric[s].astype(np.int32)),
            "tags": pa.array(tags).take(pa.array(s)),
            "ts_hour": pa.array(hour_sec[h]),
            "ts_sec": pa.array(hour_sec[h] + off),
            "rowkey": pa.array(rowkeys, pa.binary()).take(pa.array(sh)),
            "qualifier": _fixed_binary(off.astype(">u2").tobytes(), 2, n),
            "value": _fixed_binary(val.astype(">f8").tobytes(), 8, n),
            "version_ts": pa.array(ver),
        }
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    spec = WORKLOADS[args.workload]
    rng = np.random.default_rng([args.seed, spec.salt])
    metric, tags, s, h, off, ver, val = make_cells(rng, spec)
    table = cells_table(metric, tags, s, h, off, ver, val)
    cell_dir = os.path.join(args.out, "cells")
    os.makedirs(cell_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    for i in range(N_FILES):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(cell_dir, f"part-{i:05d}.parquet"),
            compression="snappy",
        )
    expected = oracle.expected(spec, rng, metric, tags, s, h, off, ver, val, spec.hours, spec.reads)
    # the warm-up request: the newest hour of the same table
    newest = h == spec.hours - 1
    expected["warmup"] = oracle.expected(
        spec, rng, metric, tags, s[newest], h[newest], off[newest], ver[newest], val[newest],
        spec.hours, 1,
    )
    with open(os.path.join(args.out, "oracle.json"), "w") as fh:
        json.dump(expected, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
