"""Independent oracle: the expected answers, computed from the generator's
arrays without importing the program under test.

It re-derives the reference pipeline (``TsdbBulkload.java:81-155``) in
plain Python/NumPy: the salt bucket is ``Arrays.hashCode(metric(3B) |
tags)`` over signed bytes with 32-bit overflow, then Java's ``%`` (the
remainder takes the dividend's sign) and a negation when negative; the
salted key is ``bucket(2B) | hour(4B) | rowkey``; dedup keeps the newest
version of each (key, qualifier). From the survivors it builds what each
output should hold: rows and key bounds per region (the manifest an
adoption sees), a count and digest per salt bucket (what a range scan
returns) and per get row (what a point get returns, absent rows included).
"""

from __future__ import annotations

import hashlib

import numpy as np

from workloads import ABSENT_SHARE, BASE_HOUR_SEC, HOUR_MS, ROLLUP_STEP

_M64 = (1 << 64) - 1
_C1 = np.uint64(0x9E3779B97F4A7C15)
_C2 = np.uint64(0xC2B2AE3D27D4EB4F)


def java_arrays_hashcode(data: bytes) -> int:
    """``java.util.Arrays.hashCode(byte[])``: h = 31*h + b over signed
    bytes from h = 1, wrapped to a signed 32-bit int."""
    h = 1
    for b in data:
        h = (31 * h + (b - 256 if b > 127 else b)) & 0xFFFFFFFF
    return h - (1 << 32) if h >= (1 << 31) else h


def java_rem(a: int, n: int) -> int:
    """Java's ``a % n`` for ints: truncating division, so the remainder
    has the dividend's sign (Python's ``%`` floors instead)."""
    r = abs(a) % n
    return -r if a < 0 else r


def salt_bucket(metric: int, tags: str, buckets: int = 512) -> int:
    """``TsdbBulkload.java:94-98``: ``m = hashCode(base) % n; if m < 0:
    m *= -1``."""
    m = java_rem(java_arrays_hashcode(metric.to_bytes(3, "big") + tags.encode()), buckets)
    return -m if m < 0 else m


def key_hash(key: bytes) -> int:
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")


def cell_digests(key_hashes: np.ndarray, quals: np.ndarray, value_bits: np.ndarray) -> np.ndarray:
    """Per-cell 64-bit mix of (key, qualifier, value); sums of these are
    order-free digests of a set of cells."""
    with np.errstate(over="ignore"):
        x = key_hashes.astype(np.uint64) ^ (quals.astype(np.uint64) * _C1)
        x ^= value_bits.astype(np.uint64) * _C2
        x ^= x >> np.uint64(31)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(29)
    return x


def digest_sum(d: np.ndarray) -> int:
    return int(d.sum(dtype=np.uint64)) & _M64


def digest_of_cells(keys: list[bytes], quals: bytes, values: bytes) -> tuple[int, int]:
    """(count, digest) of cells given as parallel key list and packed
    2-byte BE qualifiers / 8-byte BE values — how the checker digests a
    scan or get result."""
    if not keys:
        return 0, 0
    cache: dict[bytes, int] = {}
    kh = np.fromiter(
        (cache[k] if k in cache else cache.setdefault(k, key_hash(k)) for k in keys),
        np.uint64,
        len(keys),
    )
    q = np.frombuffer(quals, ">u2")
    v = np.frombuffer(values, ">u8")
    if q.size != len(keys) or v.size != len(keys):
        raise ValueError("qualifier/value widths do not match the cell count")
    return len(keys), digest_sum(cell_digests(kh, q, v))


def _survivors(s, h, off, ver):
    """Index of the newest version of each (series, hour, offset)."""
    order = np.lexsort((ver, off, h, s))
    ss, hh, oo = s[order], h[order], off[order]
    last = np.ones(order.size, bool)
    last[:-1] = (ss[1:] != ss[:-1]) | (hh[1:] != hh[:-1]) | (oo[1:] != oo[:-1])
    return order[last]


def _region_bounds(keys_by_region: dict[int, list[bytes]], rows_by_region: dict[int, int]) -> dict:
    """The manifest ``hfile.build_manifest`` should produce."""
    return {
        str(r): {
            "rows": rows_by_region[r],
            "min_key_hex": min(ks).hex().upper(),
            "max_key_hex": max(ks).hex().upper(),
        }
        for r, ks in sorted(keys_by_region.items())
    }


def expected(spec, rng, metric, tags, s, h, off, ver, val, hours: int, reads: int) -> dict:
    """The answers for a request over the hours present in ``h`` (a
    contiguous window of the table's ``hours``), with ``reads`` reads."""
    series = len(tags)
    buckets = np.array([salt_bucket(int(metric[i]), tags[i]) for i in range(series)])

    def salted(hi: int, m: int, tag: str, b: int) -> bytes:
        hs = (BASE_HOUR_SEC + hi * 3600).to_bytes(4, "big")
        return b.to_bytes(2, "big") + hs + m.to_bytes(3, "big") + hs + tag.encode()

    keys = [
        salted(hi, int(metric[si]), tags[si], int(buckets[si]))
        for si in range(series)
        for hi in range(hours)
    ]
    khash = np.array([key_hash(k) for k in keys], np.uint64)

    keep = _survivors(s, h, off, ver)
    ks, kh, ko = s[keep], h[keep], off[keep]
    sh = ks * hours + kh
    kbucket = buckets[ks]
    dig = cell_digests(khash[sh], ko.astype(np.uint16), val[keep].astype(">f8").view(">u8").astype(np.uint64))

    step = ROLLUP_STEP if spec.layout == "rollup" else 1
    by_region: dict[int, list[bytes]] = {}
    for p in np.unique(sh).tolist():
        by_region.setdefault(int(buckets[p // hours]) // step, []).append(keys[p])
    rows = np.bincount(kbucket // step, minlength=512 // step)
    counts = np.bincount(kbucket, minlength=512)
    out: dict = {
        "start_ms": BASE_HOUR_SEC * 1000 + int(h.min()) * HOUR_MS,
        "end_ms": BASE_HOUR_SEC * 1000 + (int(h.max()) + 1) * HOUR_MS,
        "input_cells": int(s.size),
        "surviving_cells": int(keep.size),
        "manifest": _region_bounds(by_region, {r: int(rows[r]) for r in by_region}),
        # a range scan over buckets [8i, 8i + 8) returns the sum of these
        "bucket_counts": counts.tolist(),
        "bucket_digests": [digest_sum(dig[kbucket == b]) for b in range(512)],
    }
    if spec.layout == "rollup":
        out["gets"] = _gets(reads, rng, tags, hours, keys, sh, dig, salted)
    else:
        out["scans"] = _scan_windows(rng, counts, reads)
    return out


def _scan_windows(rng, bucket_counts: np.ndarray, n: int, regions: int = 8) -> list[int]:
    """Indices i of 8-bucket windows [8i, 8i + 8) to scan, drawn from the
    windows holding the number of populated regions closest to
    ``regions``: every scan then does the same amount of work, so the
    scan latency does not depend on which windows a seed happens to pick."""
    filled = (bucket_counts.reshape(-1, 8) > 0).sum(axis=1)
    dist = np.abs(filled - regions)
    return rng.choice(np.flatnonzero(dist == dist.min()), n).tolist()


def _gets(n: int, rng, tags, hours, keys, sh, dig, salted) -> list:
    """Point-get sequence: Zipf over series (p ~ 1 / rank**0.8 over a
    seeded popularity order, so the mix is not decided by the files of a
    few series), hours drawn geometrically from the newest,
    ``ABSENT_SHARE`` of rows that no series has (an unknown host, salted
    like a real key)."""
    series = len(tags)
    popularity = rng.permutation(series)
    weight = 1.0 / np.arange(1, series + 1) ** 0.8
    rank = rng.choice(series, n, p=weight / weight.sum())
    hour = np.maximum(hours - rng.geometric(0.15, n), 0)
    absent = rng.random(n) < ABSENT_SHARE
    sums = np.bincount(sh, minlength=series * hours)
    dsum: dict[int, int] = {}
    order = np.argsort(sh, kind="stable")
    bounds = np.searchsorted(sh[order], np.arange(series * hours + 1))
    gets = []
    used = {t.split(",")[0] for t in tags}
    for i in range(n):
        if absent[i]:
            m = int(rng.integers(0, 48))
            host = f"host=h{int(rng.integers(0, 10**6)):06d}"
            while host in used:
                host = f"host=h{int(rng.integers(0, 10**6)):06d}"
            tag = f"{host},dc=dc{int(rng.integers(0, 6))}"
            key = salted(int(hour[i]), m, tag, salt_bucket(m, tag))
            gets.append([key.hex().upper(), 0, 0])
            continue
        pair = int(popularity[rank[i]]) * hours + int(hour[i])
        if pair not in dsum:
            dsum[pair] = digest_sum(dig[order[bounds[pair]:bounds[pair + 1]]])
        gets.append([keys[pair].hex().upper(), int(sums[pair]), dsum[pair]])
    return gets
