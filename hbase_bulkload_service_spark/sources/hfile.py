"""HFile-layout sink (SURVEY.md §2.H H1-H3) — sorted, per-region,
non-overlapping KV files + manifest.

Reference writers:
- H1 stock `HFileOutputFormat2` config (bulkload/HFileOutputUtil.java:17-39:
  snappy, replication 1, ≤2048 files/region/family);
- H2 rolling writer, one file per 2-byte salt prefix
  (bulkload/HadoopOutputFormat2.java:85-160 — roll on prefix change in the
  sorted stream);
- H3 same with 8 buckets per file (HadoopOutputFormat3.java:87-104, step 8
  — the rollup table's 64-region layout, HBaseManager.java:360-368).

Spark-first design (SURVEY.md §4.2): instead of relying on each task's
stream being sorted and hoping partitions don't overlap (the reference's
contract), the requirement is declared once, in :func:`kv_layout` —
``repartitionByRange(region, key, qualifier) + sortWithinPartitions`` —
giving globally non-overlapping, internally sorted files per region. Both
writers apply it themselves: :func:`write_hfiles` here (sorted parquet,
snappy, one directory per region) and ``hfilev3.write_hfilev3_files``
(real HFile v3 bytes). PySpark cannot instantiate HFileOutputFormat2
without HBase jars; the v3 writer emits the same byte format in pure
Python.

The adoption step (LoadIncrementalHFiles, HBaseController.java:232-254, H7)
is an external contract: `validate_layout` is the no-op load stub that
checks what adoption requires — region mapping, non-overlap, file caps.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_FILES_PER_REGION = 2048  # HFileOutputUtil.java:20
ROLLUP_BUCKETS_PER_REGION = 8  # HadoopOutputFormat3.java:24,97


def assign_region(kv: DataFrame, rollup: bool = False) -> DataFrame:
    """region id = bucket (raw table: 512 regions) or bucket div 8 (rollup:
    64 regions) — mirrors the two writers' roll keys."""
    step = ROLLUP_BUCKETS_PER_REGION if rollup else 1
    return kv.withColumn("region", F.expr(f"bucket div {step}").cast("int"))


def kv_layout(
    kv: DataFrame, rollup: bool = False, num_partitions: int = 64
) -> DataFrame:
    """The one owner of the bulkload key layout: assign regions, then
    range-partition and sort within partitions on (region, key,
    qualifier). Every partition then holds a contiguous, sorted key range,
    so a writer that rolls a file on region change emits non-overlapping,
    internally sorted files (HadoopOutputFormat2.writeRecord).

    The keys are the RAW BINARY columns: Spark's unsigned-lexicographic
    BinaryType order is HBase's Bytes.compareTo, and uppercase hex is
    order-isomorphic to it (test_composed_tsdb pins this on high-bit
    keys), so the sort key carries half the bytes of the hex columns.

    The sort leads with ``region`` on purpose: the partitioned parquet
    writer requires its input ordered by the partition column, and an
    order that does not start with it gets a ``Sort [region]`` planned on
    top, under which Catalyst drops this sort as redundant — the files
    would come out unsorted inside."""
    keys = ("region", "key", "qualifier")
    return (
        assign_region(kv, rollup)
        .repartitionByRange(num_partitions, *keys)
        .sortWithinPartitions(*keys)
    )


def write_hfiles(
    kv: DataFrame,
    path: str,
    rollup: bool = False,
    num_partitions: int | None = None,
    manifest: bool = True,
) -> dict | None:
    """Write the KV stream as one sorted parquet directory per region +
    manifest.json. Input: columns (bucket, key, key_hex, family, qualifier,
    qualifier_hex, value) — e.g. from operators.tsdb.bulkload_kv, in any
    order: the writer lays it out with :func:`kv_layout` (64 range
    partitions by default), and the dynamic-partition writer rolls files
    on region change exactly like HadoopOutputFormat2.writeRecord.

    ``manifest=False`` skips the readback pass; a caller that re-reads the
    output anyway can derive the same stats from its own scan and persist
    them with :func:`write_manifest` (avoids scanning the data twice).
    """
    (
        kv_layout(kv, rollup, num_partitions or 64)
        .write.partitionBy("region")
        .option("compression", "snappy")
        .mode("overwrite")
        .parquet(path)
    )
    if not manifest:
        return None
    m = build_manifest(kv.sparkSession, path)
    write_manifest(path, m)
    return m


def write_manifest(path: str, manifest: dict) -> None:
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


def manifest_from_region_stats(rows) -> dict:
    """Build the manifest dict from per-region stats rows carrying
    ``region``, ``n_cells`` (or ``rows``), ``min_key_hex``, ``max_key_hex``
    — lets a caller that already aggregated a readback persist the manifest
    without a second scan."""
    return {
        "regions": {
            str(r["region"]): {
                "rows": r["n_cells"] if "n_cells" in r else r["rows"],
                "min_key_hex": r["min_key_hex"],
                "max_key_hex": r["max_key_hex"],
            }
            for r in rows
        }
    }


def build_manifest(spark, path: str) -> dict:
    df = spark.read.parquet(path)
    rows = (
        df.groupBy("region")
        .agg(
            F.count("*").alias("rows"),
            F.min("key_hex").alias("min_key_hex"),
            F.max("key_hex").alias("max_key_hex"),
        )
        .orderBy("region")
        .collect()
    )
    return manifest_from_region_stats(rows)


def validate_layout(
    spark, path: str, rollup: bool = False, deep: bool = True
) -> dict | None:
    """No-op `load` stub (H7): assert what LoadIncrementalHFiles needs of
    the layout — every row in the region its key's bucket prefix maps to,
    regions non-overlapping in key space, ≤2048 files per region.

    Parquet layouts are checked with one Spark aggregation over the data.
    Order inside each file is not re-checked here: :func:`kv_layout`
    produces it and test_bulkload_hfile pins it on the written files.
    HFile v3 directories get :func:`validate_manifest_layout`, plus (with
    ``deep``) a parse of every file in this process against its manifest
    row — adoption/test scale only; at data scale ``read_hfilev3_dir``
    runs the same per-file checks in its reading tasks."""
    names = os.listdir(path)
    if any(n.endswith(".hfile") for n in names):
        summary = validate_manifest_layout(path, rollup)
        if deep:
            from hbase_bulkload_service_spark.sources import hfilev3

            with open(os.path.join(path, "_manifest.json")) as f:
                for m in json.load(f):
                    _, meta = hfilev3.read_hfile_v3(os.path.join(path, m["file"]))
                    if (meta["rows"], meta["min_key_hex"], meta["max_key_hex"]) != (
                        m["rows"], m["min_key_hex"], m["max_key_hex"]
                    ):
                        raise AssertionError(f"{m['file']}: manifest/meta disagree")
            summary["per_record_validated"] = True
            summary["pending"] = None
            summary["checked"].append("hfilev3-per-file-parse")
        return summary
    step = ROLLUP_BUCKETS_PER_REGION if rollup else 1
    bounds = (
        spark.read.parquet(path)
        .groupBy("region")
        .agg(
            F.min("key_hex").alias("lo"),
            F.max("key_hex").alias("hi"),
            F.count_if(F.expr(f"bucket div {step}") != F.col("region")).alias(
                "wrong"
            ),
        )
        .orderBy("region")
        .collect()
    )
    bad_bucket = sum(r["wrong"] for r in bounds)
    if bad_bucket:
        raise AssertionError(f"{bad_bucket} rows landed in the wrong region")

    prev_hi, prev_region = None, None
    for r in bounds:
        if prev_hi is not None and r["lo"] < prev_hi:
            raise AssertionError(
                f"regions {prev_region} and {r['region']} overlap in key space"
            )
        prev_hi, prev_region = r["hi"], r["region"]

    for region_dir in sorted(names):
        if not region_dir.startswith("region="):
            continue
        files = [
            f
            for f in os.listdir(os.path.join(path, region_dir))
            if f.endswith(".parquet")
        ]
        if len(files) > MAX_FILES_PER_REGION:
            raise AssertionError(
                f"{region_dir}: {len(files)} files > {MAX_FILES_PER_REGION}"
            )


def _check_bucket_prefix(key_hex: str, region: int, step: int, where: str) -> None:
    """Region == bucket-prefix contract: the key's first 2 bytes are the
    BE bucket id (tsdb.with_salt), and region = bucket div step."""
    if int(key_hex[:4], 16) // step != region:
        raise AssertionError(f"{where}: key {key_hex[:4]} not in region {region}")


def validate_manifest_layout(path: str, rollup: bool = False) -> dict:
    """Adoption checks that need only a file-per-row ``_manifest.json``
    (the rolling writers' manifest; O(files) metadata, no data read):
    every file's key span lies in its region's bucket prefix (div 8
    under ``rollup``), ≤2048 files per region, and regions are
    non-overlapping in key space.

    Returns a summary of what WAS checked. ``per_record_validated`` is
    False and ``pending`` names the distributed step the caller still
    owes for the per-file container invariants — gates assert on it
    instead of silently assuming full coverage."""
    step = ROLLUP_BUCKETS_PER_REGION if rollup else 1
    with open(os.path.join(path, "_manifest.json")) as f:
        manifest = json.load(f)
    per_region: dict[int, list[dict]] = {}
    for m in manifest:
        per_region.setdefault(m["region"], []).append(m)
        _check_bucket_prefix(m["min_key_hex"], m["region"], step, m["file"])
        _check_bucket_prefix(m["max_key_hex"], m["region"], step, m["file"])
    for region, files in per_region.items():
        if len(files) > MAX_FILES_PER_REGION:
            raise AssertionError(
                f"region {region}: {len(files)} files > {MAX_FILES_PER_REGION}"
            )
    # region key ranges must not overlap (region order = key order)
    spans = sorted(
        (
            min(f["min_key_hex"] for f in files),
            max(f["max_key_hex"] for f in files),
            region,
        )
        for region, files in per_region.items()
    )
    for (_lo_a, hi_a, ra), (lo_b, _hi_b, rb) in zip(spans, spans[1:]):
        if lo_b < hi_a and ra != rb:
            raise AssertionError(f"regions {ra} and {rb} overlap in key space")
    return {
        "files": len(manifest),
        "regions": len(per_region),
        "checked": [
            "manifest-span-bucket-prefix",
            "files-per-region-cap",
            "region-span-disjointness",
        ],
        "per_record_validated": False,
        "pending": "read_hfilev3_dir — distributed per-file trailer/index/"
        "checksum/sort/bloom invariants",
    }
